"""Build-cost guard for the submission plan's wide expression lists.

Branch C's pivots, its ordered projection and the stand-in score are
built as SQL text (see operators.pivots).  Built through the
Column API, with PySpark 4.x capturing the call site on every call, the
same plan took ~14x the py4j round trips counted here.
"""

from __future__ import annotations

import datetime as dt

from vtb_datafusion_2023_spark.plans.features import branch_c_features
from vtb_datafusion_2023_spark.plans.submission import standin_target_column

VOCAB = list(range(3000, 3070))  # the reference data's 70 MCC codes
# about twice the SQL-text build's ~2,200 round trips on PySpark 4.1;
# the Column-API build of the same plan made ~30,000
MAX_ROUND_TRIPS = 4_500


def test_branch_c_and_standin_target_build_round_trips(spark, py4j_calls):
    t0 = dt.datetime(2023, 1, 1)
    rows = [
        (u, VOCAB[(u * 7 + i) % len(VOCAB)], float(i) - 3.5, t0 + dt.timedelta(hours=i), i)
        for u in range(3)
        for i in range(50)
    ]
    tx = spark.createDataFrame(rows, "user_id long, cat long, amt double, ts timestamp, ord long")
    with py4j_calls() as calls:
        feats = branch_c_features(tx, cat_vocab=VOCAB)
        cols = [c for c in feats.columns if c != "user_id"]
        preds = feats.select("user_id", standin_target_column(cols).alias("target"))
    assert preds.columns == ["user_id", "target"]
    assert calls.n <= MAX_ROUND_TRIPS, calls.n
