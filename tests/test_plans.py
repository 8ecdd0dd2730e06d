"""End-to-end plan tests: branch C features, sequence prep, and the full
run.py-equivalent submission pipeline on a transactions fixture derived
from the events table."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from vtb_datafusion_2023_spark.plans import (
    branch_c_features,
    rnn_input_sequences,
    run_submission,
    vrae_input_sequences,
)
from vtb_datafusion_2023_spark.sources.readers import load_table
from test_pivot_sql import reference_pivot_exprs

# events -> transactions contract: 5 category codes incl. the 6012
# blacklist target (FIXTURES.md §1)
_CAT_MAP = "case event_type when 'click' then 5411 when 'view' then 4111 " \
    "when 'signup' then 742 when 'purchase' then 5812 when 'error' then 6012 end"
CAT_VOCAB = [742, 4111, 5411, 5812]  # post-blacklist


def reference_branch_c_blocks(tx, cat_vocab, trim=20, blacklist_cats=(6012,), freq_divisor=20):
    """Branch C as the historical 8-block composition: each block its own
    aggregate over the kept rows, joined 8-wide.  The five pivots use
    the Column-API ``reference_pivot_exprs``, so this arm shares no
    pivot text with ``branch_c_features``."""
    from vtb_datafusion_2023_spark.functions.temporal import with_time_parts
    from vtb_datafusion_2023_spark.operators.filtering import blacklist, positional_trim
    from vtb_datafusion_2023_spark.operators.gstats import horizontal_stats, vertical_stats
    from vtb_datafusion_2023_spark.operators.joins import anti_join_missing, assemble_features
    from vtb_datafusion_2023_spark.operators.pivots import row_normalize
    from vtb_datafusion_2023_spark.plans.features import _long_counts
    from vtb_datafusion_2023_spark.schema import DAYS_OF_MONTH, DAYS_OF_WEEK, HOURS

    tx = with_time_parts(tx.withColumnRenamed("ts", "transaction_dttm"))
    trimmed = positional_trim(tx, "user_id", ["transaction_dttm", "ord"], trim, trim)
    kept = blacklist(trimmed, "cat", *blacklist_cats)
    dropped = anti_join_missing(trimmed.select("user_id").distinct(), kept, "user_id")

    def pivot(col, vocab, agg, prefix, value_col=None, fill=0):
        aggs = reference_pivot_exprs(col, vocab, agg, value_col, prefix)
        return kept.groupBy("user_id").agg(*aggs).na.fill(fill)

    long = _long_counts(kept, freq_divisor)
    freq_long = row_normalize(long, "user_id", "cnt", out_col="freq")
    blocks = [
        pivot("cat", cat_vocab, "count", "mcc_freq"),
        pivot("cat", cat_vocab, "sum", "mcc_sum", value_col="amt", fill=0.0),
        horizontal_stats(long, "user_id", "cnt_b", "mcc_freq_stats"),
        horizontal_stats(freq_long, "user_id", "freq", "mcc_freq_proc_stats"),
        pivot("day_of_month", DAYS_OF_MONTH, "count", "dom"),
        pivot("day_of_week", DAYS_OF_WEEK, "count", "dow"),
        pivot("hour", HOURS, "count", "hod"),
        vertical_stats(kept, ["user_id"], "time_day", "time_day"),
    ]
    feats = assemble_features(blocks, key="user_id", how="outer", fill=0.0)
    return feats, dropped


@pytest.fixture(scope="module")
def tx(spark, sf_small):
    ev = load_table(spark, sf_small, "events")
    return ev.select(
        "user_id",
        F.expr(_CAT_MAP).alias("cat"),
        F.expr("case when event_type in ('purchase','error') then -value else value end").alias("amt"),
        "ts",
        F.col("event_id").alias("ord"),
    )


def test_branch_c_features_shape(tx):
    feats, dropped = branch_c_features(tx, cat_vocab=CAT_VOCAB)
    pdf = feats.toPandas()
    assert len(pdf) > 0
    # every expected block present
    for probe in ["mcc_freq-5411", "mcc_sum-742", "mcc_freq_stats_mean",
                  "mcc_freq_proc_stats_divmm1", "dom-15", "dow-0", "hod-23",
                  "time_day_skew"]:
        assert probe in pdf.columns, probe
    assert pdf.isna().sum().sum() == 0  # fill-0 conform (P9/M2)
    assert dropped.count() == 0  # sf0.001 users all survive trim+blacklist


def test_branch_c_fused_matches_blocks_bitwise(tx):
    """The fused single-aggregate branch C must reproduce the 8-block
    reference bit-for-bit (counts / decimal sums / exact percentiles
    are order-insensitive, so fusion is a pure plan change) — including
    column order, which the FEATURE_COLS contract pins downstream."""
    import numpy as np

    fused, d1 = branch_c_features(tx, cat_vocab=CAT_VOCAB)
    blocks, d2 = reference_branch_c_blocks(tx, cat_vocab=CAT_VOCAB)
    pa = fused.orderBy("user_id").toPandas()
    pb = blocks.orderBy("user_id").toPandas()
    assert list(pa.columns) == list(pb.columns)
    assert len(pa) == len(pb) > 0
    for c in pa.columns:
        va, vb = pa[c].values, pb[c].values
        if va.dtype.kind == "f":
            eq = (np.isnan(va.astype(float)) & np.isnan(vb.astype(float))) | (va == vb)
        else:
            eq = va == vb
        assert eq.all(), (c, va[~eq][:3], vb[~eq][:3])
    assert d1.count() == d2.count()


def test_horizontal_stats_multi_extras_match_separate_blocks(tx):
    """horizontal_stats_multi with pass-through extra_aggs must equal the
    two separate aggregates joined: same values bitwise, extras leading."""
    import numpy as np

    from vtb_datafusion_2023_spark.operators.gstats import (
        horizontal_stats,
        horizontal_stats_multi,
    )

    long = tx.groupBy("user_id", "cat").agg(F.count(F.lit(1)).alias("cnt"))
    extras = [
        F.expr(f"coalesce(max(case when cat = {v} then cnt end), 0) as cnt_{v}")
        for v in (742, 4111)
    ]
    fused = horizontal_stats_multi(long, "user_id", [("cnt", "hs")], extra_aggs=extras)
    wide = long.groupBy("user_id").agg(*extras)
    hs = horizontal_stats(long, "user_id", "cnt", "hs")
    joined = wide.join(hs, "user_id", "inner")
    pa = fused.orderBy("user_id").toPandas()
    pb = joined.orderBy("user_id").toPandas()
    assert list(pa.columns) == list(pb.columns)  # extras lead, stats follow
    assert len(pa) == len(pb) > 0
    for c in pa.columns:
        va, vb = pa[c].values, pb[c].values
        if va.dtype.kind == "f":
            eq = (np.isnan(va) & np.isnan(vb)) | (va == vb)
        else:
            eq = va == vb
        assert eq.all(), c


def test_branch_c_fused_plan_is_narrow(tx):
    """The point of fusion: 2 exchanges and 1 join leg where the block
    form plans ~19 exchanges and a 7-leg SMJ chain — at 100 TB that is
    the difference between shuffling the row set once and nine times."""
    from vtb_datafusion_2023_spark.operators.cleaning import clean_transactions

    cleaned = clean_transactions(
        tx, user_col="user_id", cat_col="cat", value_col="amt", n_amt=10, n_mcc=10
    ).localCheckpoint(eager=True)
    feats, _ = branch_c_features(cleaned, cat_vocab=CAT_VOCAB)
    p = feats._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange") <= 3, p.count("Exchange")
    assert p.count("SortMergeJoin") + p.count("BroadcastHashJoin") <= 2


def reference_corpus_prep_blocks(spark, sf_dir):
    """``pipeline_corpus_prep`` as the plain composition of the certified
    operators: ``exact_dedup`` + join-back for the exact stage, and no
    pin at the substring-dedup fan-out."""
    from vtb_datafusion_2023_spark.operators.dedup import exact_dedup, substring_dedup
    from vtb_datafusion_2023_spark.operators.filtering import shard_assign
    from vtb_datafusion_2023_spark.operators.text import decontaminate_drop
    from vtb_datafusion_2023_spark.suite.datapipe import _PREP_W, _corpus_prep_inputs

    q, bench = _corpus_prep_inputs(spark, sf_dir)
    reps = exact_dedup(q, "doc_id", ["text"]).select(F.col("keep_id").alias("doc_id"))
    s2 = q.join(reps, "doc_id")
    sd = substring_dedup(s2, window_tokens=_PREP_W).withColumnRenamed("text_dedup", "text_final")
    s4 = decontaminate_drop(
        sd, bench.withColumnRenamed("text", "text_final"), "doc_id", "text_final", n=3
    )
    out = shard_assign(s4, "doc_id", n_shards=4, salt="ep1")
    return out.select("doc_id", "shard", "pos", "n_removed", "text_final")


def test_corpus_prep_fused_matches_blocks_bitwise(spark, sf_small):
    """The r8 corpus-prep rewrite (window-based exact-dedup + pinned
    substring-dedup fan-out) must reproduce the block composition
    bit-for-bit, including the shard/pos assignment (order-sensitive
    through the md5 sort keys)."""
    from vtb_datafusion_2023_spark.suite.datapipe import pipeline_corpus_prep

    pa = pipeline_corpus_prep(spark, sf_small).orderBy("doc_id").toPandas()
    pb = reference_corpus_prep_blocks(spark, sf_small).orderBy("doc_id").toPandas()
    assert list(pa.columns) == list(pb.columns)
    assert len(pa) == len(pb) > 0
    assert pa.equals(pb)


def test_corpus_prep_fused_plan_is_narrow(spark, sf_small):
    """Post-rewrite plan shape: the window-dedup subtree executes once
    (pinned), exact dedup is one window exchange, no SMJ legs remain —
    10 exchanges + 2 SMJ in the block form, <= 5 + 0 fused."""
    from vtb_datafusion_2023_spark.suite.datapipe import pipeline_corpus_prep

    df = pipeline_corpus_prep(spark, sf_small)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange") <= 5, p.count("Exchange")
    assert p.count("SortMergeJoin") == 0


def test_vrae_sequences(tx):
    seqs = vrae_input_sequences(tx, cat_vocab=CAT_VOCAB + [6012]).collect()
    assert len(seqs) > 0
    n_feat = 6 + 5  # numerics + one-hot cats
    for r in seqs[:5]:
        assert all(len(step) == n_feat for step in r.seq)
        # cumsum over full history: last amt_cum equals sum of amt steps? (amt not in features)
        assert len(r.seq) >= 1


def test_rnn_sequences_fixed_length(tx):
    edges = {"amt": [-1000.0, -10.0, 0.0, 10.0, 1000.0], "time_day": [0.0, 21600.0, 43200.0, 64800.0, 86400.0]}
    seqs = rnn_input_sequences(tx, edges, seq_len=40).collect()
    assert all(len(r.seq) == 40 for r in seqs)
    assert all(len(step) == 2 for r in seqs for step in r.seq[:2])


def test_run_submission_end_to_end(spark, tx, tmp_path):
    out = str(tmp_path / "submission")
    sub = run_submission(
        spark, tx, cat_vocab=CAT_VOCAB, n_reps=3, output_path=out
    ).toPandas()
    n_users = tx.select("user_id").distinct().count()
    # one score per input user (J4 re-adds anyone dropped), sorted
    assert len(sub) == n_users
    assert list(sub.columns) == ["user_id", "target"]
    assert (sub["user_id"].sort_values().to_numpy() == sub["user_id"].to_numpy()).all()
    assert sub["target"].notna().all()
    # CSV written (S3)
    back = spark.read.option("header", True).csv(out)
    assert back.count() == n_users


def test_run_submission_deterministic(spark, tx):
    a = run_submission(spark, tx, cat_vocab=CAT_VOCAB, n_reps=2).toPandas()
    b = run_submission(spark, tx, cat_vocab=CAT_VOCAB, n_reps=2).toPandas()
    assert (a["target"].to_numpy() == b["target"].to_numpy()).all()


def test_run_submission_with_real_cbm(spark, tx):
    """U6 real-model path: the reference .cbm scores the assembled frame
    conform-by-name (nn_predict is the one shared trained feature; the
    rest of the synthetic vocabulary scores at the 0-fill, run.py:470-475
    semantics)."""
    import os

    import pytest as _pytest

    if not os.path.exists("/root/reference/model_dir/model_cb.cbm"):
        _pytest.skip("reference .cbm not present")
    from vtb_datafusion_2023_spark.inference.udfs import catboost_cbm_model

    sub = run_submission(
        spark, tx, cat_vocab=CAT_VOCAB, n_reps=2, model=catboost_cbm_model()
    ).toPandas()
    n_users = tx.select("user_id").distinct().count()
    assert len(sub) == n_users
    assert sub["target"].notna().all()
    # raw GBDT logits, not the linear stand-in's scale: finite and varied
    assert sub["target"].std() >= 0.0 and sub["target"].abs().max() < 50
