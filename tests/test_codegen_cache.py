"""Generated-code reuse across passes of the submission plan.

One pass of the wide submission plan generates more classes than Spark's
default 100-entry codegen cache holds, and whole-stage codegen's class
names carry the stage id, which shifts between passes.  ``get_spark``
sizes the cache and ``tune_session`` takes the id out of the class name
(see ``session``), so a warm pass compiles nothing.
"""

from __future__ import annotations

import datetime as dt

from vtb_datafusion_2023_spark import session
from vtb_datafusion_2023_spark.plans.submission import run_submission

VOCAB = list(range(3000, 3070))  # the reference data's 70 MCC codes


def test_second_submission_pass_compiles_no_class(spark, codegen_compiles):
    t0 = dt.datetime(2023, 1, 1)
    rows = [
        (u, VOCAB[(u * 7 + i) % len(VOCAB)], float(i % 23) - 9.5, t0 + dt.timedelta(hours=5 * i), i)
        for u in range(12)
        for i in range(80)
    ]
    tx = spark.createDataFrame(rows, "user_id long, cat long, amt double, ts timestamp, ord long")

    def one_pass():
        return run_submission(spark, tx, cat_vocab=VOCAB, use_real_rnn=False).collect()

    with codegen_compiles() as cold:
        first = one_pass()
    with codegen_compiles() as warm:
        second = one_pass()
    assert cold.n > 0  # the counters see this plan's compiles
    assert warm.n == 0, f"warm pass compiled {warm.n} classes in {warm.ms:.0f} ms"
    assert second == first


def test_tune_session_drops_stage_id_from_class_names(spark):
    other = spark.newSession()  # fresh SQL conf on the same JVM
    key = "spark.sql.codegen.useIdInClassName"
    assert other.conf.get(key) == "true"
    session.tune_session(other)
    assert other.conf.get(key) == "false"


def test_get_spark_sizes_codegen_cache(spark):
    entries = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    assert entries == str(session._CODEGEN_CACHE_ENTRIES)
