"""End-to-end submission pipeline (suite/submission_e2e.py): the
certification contracts that keep `pipeline_submission` hash-green.

The oracle's linear stand-in weights are keyed by COLUMN NAME, computed
independently at oracle-generation time (FEATURE_COLS) and at Spark plan
build time (assembled.columns) — these tests pin the two inventories to
each other so a branch-C column rename/add cannot silently turn into a
weight mismatch."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vtb_datafusion_2023_spark.plans.submission import (
    md5_keep_sql,
    run_submission,
    standin_target_column,
    standin_target_sql,
    standin_weights,
)
from vtb_datafusion_2023_spark.suite import submission_e2e as SE
from vtb_datafusion_2023_spark.suite._util import SIGNED_AMT, T


def _tx(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    return ev.select(
        "user_id",
        F.expr(SE.CAT_CODE).alias("cat"),
        F.expr(SIGNED_AMT).alias("amt"),
        "ts",
        F.col("event_id").alias("ord"),
    )


def test_feature_inventory_matches_runtime(spark, sf_small):
    """FEATURE_COLS (oracle-side weight keys) == the runtime assembled
    schema, name for name."""
    from vtb_datafusion_2023_spark.operators.cleaning import clean_transactions
    from vtb_datafusion_2023_spark.operators.joins import assemble_features
    from vtb_datafusion_2023_spark.plans.features import branch_c_features
    from vtb_datafusion_2023_spark.plans.submission import _rnn_branch

    tx = _tx(spark, sf_small)
    nn = _rnn_branch(tx, n_reps=2, use_real_rnn=False)
    cleaned = clean_transactions(
        tx, user_col="user_id", cat_col="cat", value_col="amt", n_amt=10, n_mcc=10
    )
    feats = branch_c_features(cleaned, cat_vocab=SE.VOCAB, blacklist_cats=(2,))
    assembled = assemble_features([nn, feats], key="user_id", how="outer", fill=None)
    runtime = sorted(c for c in assembled.columns if c != "user_id")
    assert runtime == sorted(SE.FEATURE_COLS)


def test_standin_weights_are_exact_binary():
    ws = standin_weights(SE.FEATURE_COLS)
    assert len(ws) == len(SE.FEATURE_COLS) == 118
    for c, w in ws.items():
        k = w * 1024.0
        assert k == round(k) and -9 <= k <= 9, (c, w)
    # the SQL twin renders every weight as cast(k as double)/cast(1024 ..)
    sql = standin_target_sql(SE.FEATURE_COLS)
    assert sql.count("cast(1024 as double)") == len(SE.FEATURE_COLS)


def test_md5_sampler_deterministic_and_sized(spark, sf_small):
    tx = _tx(spark, sf_small)
    n = tx.count()
    kept1 = tx.filter(F.expr(md5_keep_sql("ord", 0))).count()
    kept2 = tx.filter(F.expr(md5_keep_sql("ord", 0))).count()
    kept_other = tx.filter(F.expr(md5_keep_sql("ord", 1))).count()
    assert kept1 == kept2  # replayable
    assert kept1 != kept_other  # reps differ
    assert 0.90 * n < kept1 < 0.99 * n  # ~0.949 keep rate


def test_inplan_scorer_matches_udf_scorer(spark, sf_small):
    """The in-plan deterministic scorer and the mapInPandas linear-model
    path agree (UDF path rounds to 6 digits — compare at that grain)."""
    det = run_submission(
        spark,
        _tx(spark, sf_small),
        cat_vocab=SE.VOCAB,
        n_reps=2,
        use_real_rnn=False,
        blacklist_cats=(2,),
    ).toPandas()
    assert len(det) and det["target"].notna().all()
    # same spine re-scored through the UDF path with the SAME weights
    from vtb_datafusion_2023_spark.inference.udfs import BroadcastModel
    import numpy as np

    cols = sorted(SE.FEATURE_COLS)
    ws = standin_weights(SE.FEATURE_COLS)
    model = BroadcastModel(
        kind="linear", payload=np.asarray([ws[c] for c in cols], dtype=np.float64)
    )
    # note: score_with_model consumes a positional feature array; build it
    # in the same sorted-name order the weights were laid out in.
    from vtb_datafusion_2023_spark.operators.cleaning import clean_transactions
    from vtb_datafusion_2023_spark.operators.joins import assemble_features
    from vtb_datafusion_2023_spark.plans.features import branch_c_features
    from vtb_datafusion_2023_spark.plans.submission import _rnn_branch
    from vtb_datafusion_2023_spark.inference.udfs import score_with_model

    tx = _tx(spark, sf_small)
    nn = _rnn_branch(tx, n_reps=2, use_real_rnn=False)
    cleaned = clean_transactions(
        tx, user_col="user_id", cat_col="cat", value_col="amt", n_amt=10, n_mcc=10
    )
    feats = branch_c_features(cleaned, cat_vocab=SE.VOCAB, blacklist_cats=(2,))
    assembled = assemble_features([nn, feats], key="user_id", how="outer", fill=None).na.drop()
    vecs = assembled.select(
        "user_id", F.array(*[F.col(f"`{c}`").cast("double") for c in cols]).alias("features")
    )
    udf = (
        score_with_model(vecs, model, id_col="user_id", vec_col="features")
        .withColumnRenamed("vec_id", "user_id")
        .toPandas()
    )
    merged = det.merge(udf, on="user_id", how="inner")
    scored = merged[merged["user_id"].isin(udf["user_id"])]
    assert len(scored)
    assert (scored["target"] - scored["score"]).abs().max() < 1e-5


def test_standin_target_column_matches_sql(spark):
    """In-plan Column twin == textual SQL twin, bit for bit."""
    df = spark.createDataFrame([(1, 2.0, 3), (2, -1.5, 7)], ["user_id", "a b", "c-d"])
    cols = ["a b", "c-d"]
    got = df.select(standin_target_column(cols).alias("t")).collect()
    want = df.selectExpr(f"({standin_target_sql(cols, quote='`')}) as t").collect()
    assert [r.t for r in got] == [r.t for r in want]
