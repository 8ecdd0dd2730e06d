"""Suite: robust-cleaning operators A7-A9 (SURVEY §2.5) — the reference's
defence-track transaction cleaning (/root/reference/run.py:25-85) on the
events stand-in table (user_id x event_type x value)."""

from __future__ import annotations

from pyspark.sql import functions as F

from .. import sqlgen
from ..operators.cleaning import (
    clean_transactions,
    rare_category_rewrite,
    winsorize_to_median,
)
from ..operators.gstats import group_percentiles, group_percentiles_sql
from . import register
from ._util import T

_GP_SQL = group_percentiles_sql("events", ["user_id", "event_type"], "value", n_amt=10)


@register(
    "a7_group_percentiles",
    oracle=_GP_SQL,
    survey_ref="A7",
    doc="per-(user,category) count + dynamic percentile bounds + median (run.py:41-58).",
)
def a7_group_percentiles(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    return group_percentiles(ev, ["user_id", "event_type"], "value", n_amt=10)


def clean_ctes(
    table: str, cat: str, value: str, keep: tuple = (), winsorize: bool = True, rare: bool = True
) -> str:
    """DuckDB oracle CTEs (no leading ``with``) of the robust cleaning over
    ``table(user_id, cat, value, *keep)``; the last, ``cleaned``, holds
    those columns after the chosen steps.  Every statistic comes from the
    ORIGINAL ``table`` (the reference copies per-code arrays before
    mutating them, run.py:49-50).

    - winsorize: rows outside (p_lo, p_hi) in groups with cnt > 10 get
      the group median (run.py:60-67);
    - rare: categories with count <= 10 become the user's most frequent
      category (tie-break: smallest) and take its median (run.py:69-76).
    """
    extra = "".join(f", e.{c}" for c in keep)
    ctes, src = [], table
    if winsorize:
        gp = group_percentiles_sql(table, ["user_id", cat], value, n_amt=10)
        ctes += [
            f"gp as ({gp})",
            f"""winsorized as (
  select e.user_id, e.{cat},
         case when gp.cnt > 10 and (e.{value} > gp.p_hi or e.{value} < gp.p_lo)
              then gp.p_median else e.{value} end as {value}{extra}
  from {table} e
  left join gp on e.user_id = gp.user_id and e.{cat} = gp.{cat}
)""",
        ]
        src = "winsorized"
    if rare:
        ctes += [
            f"counts as (select user_id, {cat}, count(*) as cat_cnt from {table} group by 1, 2)",
            f"""top as (
  select user_id, {cat} as top_cat
  from (select user_id, {cat}, cat_cnt,
               row_number() over (partition by user_id
                                  order by cat_cnt desc, {cat} asc) as rn
        from counts)
  where rn = 1
)""",
            f"""med as (select user_id, {cat}, quantile_cont({value}, 0.5) as cat_median
        from {table} group by 1, 2)""",
            f"""topmed as (select top.user_id, top.top_cat, med.cat_median
           from top join med on top.user_id = med.user_id and top.top_cat = med.{cat})""",
            f"""rewritten as (
  select e.user_id,
         case when c.cat_cnt <= 10 then tm.top_cat else e.{cat} end as {cat},
         case when c.cat_cnt <= 10 then tm.cat_median else e.{value} end as {value}{extra}
  from {src} e
  join counts c on e.user_id = c.user_id and e.{cat} = c.{cat}
  join topmed tm on e.user_id = tm.user_id
)""",
        ]
        src = "rewritten"
    return ",\n".join([*ctes, f"cleaned as (select * from {src})"])


def _clean_oracle(**steps) -> str:
    return f"""
with {clean_ctes("events", "event_type", "value", **steps)}
select user_id, event_type, count(*) as n, {sqlgen.dsum('value', 'value_sum')}
from cleaned group by user_id, event_type
"""


def _summary(df):
    return df.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n"), F.expr(sqlgen.dsum("value", "value_sum"))
    )


@register(
    "a8_winsorize",
    oracle=_clean_oracle(rare=False),
    survey_ref="A8",
    doc="winsorize-to-median outside dynamic group percentile bounds (run.py:60-67).",
)
def a8_winsorize(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    return _summary(
        winsorize_to_median(ev, "user_id", "event_type", "value", n_amt=10, min_count=10)
    )


@register(
    "a9_rare_rewrite",
    oracle=_clean_oracle(winsorize=False),
    survey_ref="A9",
    doc="rare-category rewrite to the user's top category + its median (run.py:69-76).",
)
def a9_rare_rewrite(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    return _summary(rare_category_rewrite(ev, "user_id", "event_type", "value", min_count=10))


@register(
    "clean_transactions_composed",
    oracle=_clean_oracle(),
    survey_ref="A7,A8,A9,F3",
    doc="composed robust cleaning: winsorize then rare-rewrite, stats from the ORIGINAL "
    "amounts (the reference copies per-code arrays before mutating — run.py:49-50).",
)
def clean_transactions_composed(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    return _summary(
        clean_transactions(
            ev, user_col="user_id", cat_col="event_type", value_col="value", n_amt=10, n_mcc=10
        )
    )


@register(
    "clean_mad_outliers",
    oracle="""
with med as (
  select user_id, event_type, quantile_cont(value, 0.5) as med
  from events group by 1, 2
),
wm as (select e.event_id, e.user_id, e.event_type, e.value, m.med
       from events e join med m using (user_id, event_type)),
mad as (
  select user_id, event_type, quantile_cont(abs(value - med), 0.5) as mad
  from wm group by 1, 2
)
select wm.event_id, wm.value, wm.med, mad.mad,
       (abs(wm.value - wm.med) > cast(3.0 as double) * mad.mad
        and mad.mad > cast(0 as double)) as is_outlier
from wm join mad using (user_id, event_type)
""",
    survey_ref="clean-mad",
    doc="robust MAD outlier flag per (user, type): |x-med| > 3*MAD; the "
    "robust sibling of A8 winsorization, exact percentiles, two grouped "
    "passes on one shuffle layout.",
)
def clean_mad_outliers(spark, sf_dir):
    from ..operators.cleaning import mad_outliers

    out = mad_outliers(T(spark, sf_dir, "events"), ["user_id", "event_type"], "value", k=3.0)
    return out.select("event_id", "value", "med", "mad", "is_outlier")


_EXPECT_RULES = {
    "qty_positive": "l_quantity > 0",
    "discount_unit_range": "l_discount >= 0 and l_discount <= 1",
    "shipdate_present": "l_shipdate is not null",
    "returnflag_domain": "l_returnflag in ('A', 'N', 'R')",
    "low_tax": "l_tax < 0.05",
}


def _expect_rule_sql(name: str, expr: str) -> str:
    return (
        f"cast(sum(case when not ({expr}) or ({expr}) is null "
        f"then 1 else 0 end) as bigint) as {name}"
    )


@register(
    "clean_expectations",
    oracle=f"""
with agg as (
  select count(*) as n_rows,
         {", ".join(_expect_rule_sql(n, e) for n, e in _EXPECT_RULES.items())}
  from lineitem
)
{" union all ".join(
    f"select '{n}' as rule, {n} as n_violations, cast(n_rows as bigint) as n_rows from agg"
    for n in _EXPECT_RULES
)}
""",
    survey_ref="dq-expectations",
    doc="single-scan data-quality expectations over lineitem: five rules "
    "(one intentionally failing) evaluated as conditional counts in ONE "
    "aggregate — rule count never adds scans.",
)
def clean_expectations(spark, sf_dir):
    from ..operators.profile import expect

    return expect(T(spark, sf_dir, "lineitem"), _EXPECT_RULES)
