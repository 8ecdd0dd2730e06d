"""Suite: the END-TO-END submission pipeline as one driver-certified
query — the Spark-native equivalent of the reference's production entry
point ``python run.py src out`` (/root/reference/run.py:17,
metadata.json:3), composed from the same operator library the per-stage
queries certify:

  branch A (md5-deterministic ensemble stand-in for the RNN bootstrap)
  -> A7-A9 robust cleaning -> branch C wide feature matrix -> J2 assembly
  + M1 strict dropna -> in-plan linear scoring stand-in for U6
  -> J3/J4/A14 global-max imputation of eliminated users -> W6 sort.

Certification strategy (SURVEY §7.4.5): the two non-SQL-expressible
production stages (numpy RNG bootstrap, NN/CatBoost forward) are replaced
by deterministic twins with identical plan shape — an md5-seeded
subsample and an exact-binary-weight in-plan linear scorer — so DuckDB
replays the ENTIRE composed relational spine bit-for-bit.  The model
kernels themselves are hash-certified separately (`u6_catboost_cbm`,
`u6_mapinpandas_inference`) and bitwise pytest-pinned against the real
reference checkpoints (tests/test_nn_numpy.py).

The events table stands in for the transaction log (FIXTURES.md §1) with
the event_type mapped to a closed numeric category code like the
reference's MCC codes; code 2 ('error') is the F2 blacklist stand-in for
MCC 6012 (run.py:201).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .. import sqlgen
from ..operators.gstats import group_percentiles_sql
from ..plans.submission import (
    md5_keep_sql,
    run_submission,
    standin_target_sql,
)
from . import register
from ._util import SIGNED_AMT, T

N_REPS = 5
VOCAB = [1, 3, 4, 5]  # post-blacklist category codes (2 = 'error' is F2-dropped)

# closed event_type -> numeric category code (reference: MCC codes)
CAT_CODE = (
    "case event_type when 'click' then 1 when 'error' then 2 "
    "when 'purchase' then 3 when 'signup' then 4 when 'view' then 5 end"
)

_TD_COLS = ["n", "mean", "median", "min", "max", "std", "sem", "skew", "var", "sum", "amplitude"]

#: the exact feature-column inventory of ``branch_c_features`` + branch A,
#: in assembly order — pinned by tests/test_submission_e2e.py against the
#: runtime DataFrame so the name-keyed oracle weights cannot drift.
FEATURE_COLS = (
    ["nn_predict"]
    + [f"mcc_freq-{v}" for v in VOCAB]
    + [f"mcc_sum-{v}" for v in VOCAB]
    + [f"mcc_freq_stats_{c}" for c in sqlgen.HSTAT_COLS]
    + [f"mcc_freq_proc_stats_{c}" for c in sqlgen.HSTAT_COLS]
    + [f"dom-{d}" for d in range(1, 32)]
    + [f"dow-{d}" for d in range(7)]
    + [f"hod-{h}" for h in range(24)]
    + [f"time_day_{c}" for c in _TD_COLS]
)


def _rep_sql(i: int) -> str:
    return f"""
select user_id, cast(count(*) as double) as f0,
       {sqlgen.davg('amt')} as f1, {sqlgen.davg('cat')} as f2
from tx where {md5_keep_sql('ord', i)} group by user_id
"""


def _pivot_cnt(col_expr: str, vocab, prefix: str) -> str:
    return ", ".join(
        f'count(case when {col_expr} = {v} then 1 end) as "{prefix}-{v}"' for v in vocab
    )


def _submission_oracle() -> str:
    reps = ",\n".join(f"rep{i} as ({_rep_sql(i)})" for i in range(N_REPS))
    score = (
        "(f0 / cast(128 as double) + f1 / cast(512 as double)"
        " + f2 / cast(1024 as double)) as target"
    )
    scores = "\nunion all\n".join(f"select user_id, {score} from rep{i}" for i in range(N_REPS))
    gp = group_percentiles_sql("tx", ["user_id", "cat"], "amt", n_amt=10)
    catsum = ", ".join(
        f"coalesce({sqlgen.dsum(f'case when cat = {v} then amt end')}, cast(0 as double)) "
        f'as "mcc_sum-{v}"'
        for v in VOCAB
    )
    fs = sqlgen.horizontal_stats_sql("select * from longb", "user_id", "cnt_b", "mcc_freq_stats")
    ps = sqlgen.horizontal_stats_sql("select * from freql", "user_id", "freq", "mcc_freq_proc_stats")
    td = ", ".join(sqlgen.moment_stats("time_day", "time_day", percentile_fn="quantile_cont"))
    # branch_c assembles with fill=0.0: only the td std/sem/skew/var can be
    # null (n=1 / zero-variance groups) — every other block coalesces.
    feat_sel = []
    for c in FEATURE_COLS[1:]:  # nn_predict comes from the nn CTE
        if c in ("time_day_std", "time_day_sem", "time_day_skew", "time_day_var"):
            feat_sel.append(f'coalesce(cast("{c}" as double), cast(0 as double)) as "{c}"')
        else:
            feat_sel.append(f'"{c}"')
    return f"""
with tx as (
  select user_id, {CAT_CODE} as cat, {SIGNED_AMT} as amt, ts, event_id as ord
  from events
),
{reps},
scores as ({scores}),
nn as (select user_id, ({sqlgen.dsum('target')} / count(target)) as nn_predict
       from scores group by user_id),
gp as ({gp}),
wz as (
  select t.user_id, t.cat,
         case when gp.cnt > 10 and (t.amt > gp.p_hi or t.amt < gp.p_lo)
              then gp.p_median else t.amt end as amt,
         t.ts, t.ord
  from tx t left join gp on t.user_id = gp.user_id and t.cat = gp.cat
),
counts as (select user_id, cat, count(*) as cat_cnt from tx group by 1, 2),
topc as (
  select user_id, cat as top_cat from (
    select user_id, cat,
           row_number() over (partition by user_id order by cat_cnt desc, cat asc) as rn
    from counts)
  where rn = 1
),
med as (select user_id, cat, quantile_cont(amt, 0.5) as cat_median from tx group by 1, 2),
topmed as (select topc.user_id, topc.top_cat, med.cat_median
           from topc join med on topc.user_id = med.user_id and topc.top_cat = med.cat),
cleaned as (
  select w.user_id,
         case when c.cat_cnt <= 10 then tm.top_cat else w.cat end as cat,
         case when c.cat_cnt <= 10 then tm.cat_median else w.amt end as amt,
         w.ts, w.ord
  from wz w
  join counts c on w.user_id = c.user_id and w.cat = c.cat
  join topmed tm on w.user_id = tm.user_id
),
tp as (select *, hour(ts)*3600 + minute(ts)*60 + second(ts) as time_day from cleaned),
trimmed as (
  select * from (
    select *,
           row_number() over (partition by user_id order by ts asc, ord asc) as rn_a,
           row_number() over (partition by user_id order by ts desc, ord desc) as rn_d
    from tp)
  where rn_a > 20 and rn_d > 20
),
kept as (select * from trimmed where cat is null or cat <> 2),
longf as (select user_id, cat, count(*) as cnt from kept group by 1, 2),
longb as (select user_id, cat, cnt, cast(floor(cnt / 20) as bigint) as cnt_b from longf),
freql as (select user_id, cat, cnt, (cnt / {sqlgen.wdsum('cnt', 'user_id')}) as freq from longf),
catcnt as (select user_id, {_pivot_cnt('cat', VOCAB, 'mcc_freq')} from kept group by user_id),
catsum as (select user_id, {catsum} from kept group by user_id),
fs as ({fs}),
ps as ({ps}),
dom as (select user_id, {_pivot_cnt('dayofmonth(ts)', range(1, 32), 'dom')}
        from kept group by user_id),
dow as (select user_id, {_pivot_cnt('(dayofweek(ts)+6)%7', range(7), 'dow')}
        from kept group by user_id),
hod as (select user_id, {_pivot_cnt('hour(ts)', range(24), 'hod')}
        from kept group by user_id),
td as (select user_id, {td} from kept group by user_id),
feats as (
  select user_id, {', '.join(feat_sel)}
  from catcnt
  join catsum using (user_id)
  join fs using (user_id)
  join ps using (user_id)
  join dom using (user_id)
  join dow using (user_id)
  join hod using (user_id)
  join td using (user_id)
),
assembled as (select feats.*, nn.nn_predict from nn join feats using (user_id)),
preds as (select user_id, ({standin_target_sql(FEATURE_COLS)}) as target from assembled),
mx as (select max(target) as m from preds),
allu as (select distinct user_id from tx),
missing as (select a.user_id from allu a left join preds p on a.user_id = p.user_id
            where p.user_id is null)
select user_id, target from preds
union all
select missing.user_id, mx.m as target from missing, mx
"""


@register(
    "pipeline_submission",
    oracle=_submission_oracle(),
    survey_ref="S1,A7,A8,A9,A1-A6,A10-A15,F2,F4,J2,J3,J4,M1,W6,SO3,U3,U6",
    doc="END-TO-END run.py equivalent (plans/submission.py run_submission): "
    "deterministic branch-A ensemble -> robust cleaning -> branch-C wide "
    "matrix -> assembly + strict dropna -> in-plan linear scoring -> "
    "global-max imputation.  The full relational spine of the reference's "
    "production query, certified as ONE composed plan.",
)
def pipeline_submission(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    tx = ev.select(
        "user_id",
        F.expr(CAT_CODE).alias("cat"),
        F.expr(SIGNED_AMT).alias("amt"),
        "ts",
        F.col("event_id").alias("ord"),
    )
    return run_submission(
        spark,
        tx,
        cat_vocab=VOCAB,
        n_reps=N_REPS,
        sampler="md5",
        use_real_rnn=False,
        blacklist_cats=(2,),
    )
