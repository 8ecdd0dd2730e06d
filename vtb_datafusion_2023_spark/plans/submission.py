"""The end-to-end scoring pipeline — the Spark-native equivalent of
``python run.py <source_csv> <output_csv>`` (/root/reference/run.py,
SURVEY §3.1).

Stages (all from the operator library):

1. RNN branch (A): bootstrap ensemble over the raw log x scorer x A15
   mean (model.py:247-294).
2. Robust cleaning: winsorize + rare-category rewrite (run.py:25-85).
3. Branch C: wide per-user feature matrix (run.py:185-430).
4. Assembly J2 + strict dropna M1 (run.py:435-465).
5. Scoring U6 over the wide row (run.py:466-475).
6. Submission: union-fill every input user missing from the scores
   (dropped by trim+blacklist or by the strict dropna) at the global max
   A14/J4, sort W6, CSV S3 (run.py:477-486).

Branch A scores through the REAL reference weights when the artifacts
are present: ``nn_weights.ckpt`` loads via the restricted numpy
unpickler (``inference.torch_ckpt``) and runs the eval-mode BiGRU
forward (``inference.nn_numpy``) inside mapInPandas — torch is not
needed.  The final U6 stage likewise runs the REAL CatBoost model when
given ``model=catboost_cbm_model()`` — the ``.cbm`` parses through the
public flatbuffers format (``inference.cbm``) and scores conform-by-name;
without a model it is a deterministic linear stand-in, because the
driver's synthetic feature vocabulary shares only ``nn_predict`` with
the reference's trained feature names.

The three branches are independent DAG subtrees off one scan: Spark runs
them as parallel jobs feeding the assembly joins (vs the reference's
sequential single-threaded loops — SURVEY §4).

The stand-in score over the wide row is one SQL expression rather than
one Column-API call per feature: PySpark 4.x captures the call site on
every Column call, at several py4j round trips each, and building this
plan runs on the Spark driver before the eager checkpoint below can start.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import sqlgen
from ..inference.udfs import BroadcastModel, score_catboost, score_rnn_sequences
from ..operators.cleaning import clean_transactions
from ..operators.joins import (
    anti_join_missing,
    assemble_features,
    bootstrap_runs,
    ensemble_mean,
    union_fill_max,
)
from .features import branch_c_features
from .sequences import reference_feature_frame, rnn_input_sequences


REFERENCE_BINS = "/root/reference/nn_bins.pickle"
# seeds the real-weights branch A's bootstrap draws (model.py:279-281)
BOOTSTRAP_SEED = 42

# --- stand-ins for absent reference artifacts -----------------------------
#
# The reference has two non-SQL-expressible stages: the seeded bootstrap
# draw (numpy RNG) and the NN/CatBoost forward.  Without the reference
# RNN artifacts branch A keeps an md5-keyed subsample of the rows per rep
# in place of the RNG draw, and without a ``model`` U6 is an in-plan
# linear score in place of the model UDF.  Both are textual SQL fragments
# DuckDB evaluates bit-identically, so ``pipeline_submission`` certifies
# the plan production runs end to end, and the draws depend only on
# ``ord``, never on partitioning.

def md5_keep_sql(ord_col: str, rep: int, threshold_hex: str = "f2") -> str:
    """Deterministic per-rep row keep predicate: the first md5 byte of
    ``ord:rep`` at or below ``threshold_hex`` (default 0xf2 -> 243/256
    ~ 0.949, matching the reference's fraction=0.95 draw).  Lowercase-hex
    string compare — identical in Spark and DuckDB."""
    return f"substring(md5(concat({ord_col}, ':', {rep})), 1, 2) <= '{threshold_hex}'"


def standin_weights(cols: Sequence[str]) -> dict[str, float]:
    """Name-keyed linear stand-in weights: k/1024 with k in [-9, 9] from a
    deterministic name hash.  Exactly representable in binary AND as a
    short decimal, so the SQL literal ``cast(k as double)/cast(1024 as
    double)`` reproduces the Python float bit-for-bit in any engine.
    Keyed by NAME (not position) so the Spark plan and the generated
    oracle cannot disagree on weight assignment."""
    return {c: (((sum(ord(ch) for ch in c) * 37) % 19) - 9) / 1024.0 for c in cols}


def standin_target_column(feature_cols: Sequence[str]):
    """In-plan deterministic linear score: left-associated weighted sum
    over the NAME-SORTED feature columns — the same SQL text the oracle
    side evaluates (``standin_target_sql``)."""
    return F.expr(standin_target_sql(feature_cols, quote="`"))


def standin_target_sql(feature_cols: Sequence[str], quote: str = '"') -> str:
    """Oracle-side textual twin of ``standin_target_column``."""
    ws = standin_weights(feature_cols)
    q = quote
    terms = [
        f"cast({round(ws[c] * 1024):d} as double) / cast(1024 as double)"
        f" * cast({q}{c}{q} as double)"
        for c in sorted(feature_cols)
    ]
    return " + ".join(terms)


def _real_rnn_artifacts() -> tuple | None:
    """(bin_edges, BroadcastModel) from the reference artifacts, or None
    when they are absent (branch A then runs ``_rnn_branch_md5``, so the
    pipeline stays runnable anywhere)."""
    import os

    from ..inference.udfs import REFERENCE_RNN_CKPT, rnn_scorer_model
    from ..sources.artifacts import load_bin_edges

    if not (os.path.exists(REFERENCE_BINS) and os.path.exists(REFERENCE_RNN_CKPT)):
        return None
    return load_bin_edges(REFERENCE_BINS), rnn_scorer_model()


def _rnn_branch_md5(tx: DataFrame, n_reps: int) -> DataFrame:
    """Branch A without the reference artifacts: md5-keyed ~95%
    subsamples (one per rep) -> per-user aggregate features -> exact-
    binary-weight linear score -> decimal-exact ensemble mean.  Every
    float op is a shared ``sqlgen`` fragment or an exact-operand IEEE
    expression, so the DuckDB oracle reproduces ``nn_predict`` bitwise.

    Plan shape: ONE scan + ONE hash aggregate.  Each rep's features are
    conditional aggregates gated by its md5 keep-predicate, and the
    ensemble mean folds the per-rep scores in-row through the same
    exact-decimal arithmetic the oracle's union+group form uses —
    decimal sums are associative, so regrouping N scans into one is
    bitwise-free (measured 3.96 s -> ~0.9 s at sf0.1 for 5 reps).  A
    user absent from rep i (no sampled rows) contributes a NULL score
    there, exactly like its missing row in the union form."""
    # one md5 per (row, rep), projected to a boolean BEFORE the
    # aggregate: the three conditional aggs per rep then share the flag
    # instead of each re-deriving the hash (A/B: 1.30 -> 1.10 s warm at
    # sf0.1; flag values identical, so the aggregates are bitwise-free)
    pre = tx.select(
        "user_id",
        "amt",
        "cat",
        *[F.expr(md5_keep_sql("ord", i)).alias(f"_k{i}") for i in range(n_reps)],
    )
    aggs = []
    for i in range(n_reps):
        aggs.append(F.expr(f"cast(count(case when _k{i} then 1 end) as double) as f0_{i}"))
        aggs.append(F.expr(f"{sqlgen.davg(f'case when _k{i} then amt end')} as f1_{i}"))
        aggs.append(F.expr(f"{sqlgen.davg(f'case when _k{i} then cat end')} as f2_{i}"))
    per_user = pre.groupBy("user_id").agg(*aggs)
    scores = [
        f"(f0_{i} / cast(128 as double) + f1_{i} / cast(512 as double)"
        f" + f2_{i} / cast(1024 as double))"
        for i in range(n_reps)
    ]
    dec_sum = " + ".join(
        f"coalesce(cast({s} as {sqlgen.DEC}), cast(0 as {sqlgen.DEC}))" for s in scores
    )
    cnt = " + ".join(f"(case when {s} is not null then 1 else 0 end)" for s in scores)
    mean = f"({sqlgen.dec_to_double(f'({dec_sum})')} / nullif({cnt}, 0))"
    return per_user.select(
        "user_id", F.expr(f"{mean} as nn_predict")
    ).filter(F.col("nn_predict").isNotNull())


def _rnn_branch(tx: DataFrame, n_reps: int, use_real_rnn: bool) -> DataFrame:
    """Branch A: ``reliable_predict`` (model.py:247-294) — bootstrap x
    RNN scorer x mean.

    With the reference artifacts present (and ``use_real_rnn``), each
    repetition is a seeded bootstrap draw scored through the REAL
    weights: nn_bins digitize -> last-300 zero-padded sequences ->
    broadcast ``nn_weights.ckpt`` -> numpy BiGRU forward (eval mode; the
    reference's per-pass dropout noise is what its 50-rep average
    suppresses — our reps differ by bootstrap draw).  Without them it is
    ``_rnn_branch_md5``."""
    real = _real_rnn_artifacts() if use_real_rnn else None
    if real is None:
        return _rnn_branch_md5(tx, n_reps)
    bins, model = real
    runs = []
    for rep in bootstrap_runs(tx, n_reps, fraction=0.95, seed=BOOTSTRAP_SEED):
        seqs = rnn_input_sequences(reference_feature_frame(rep), bins, seq_len=300)
        scored = score_rnn_sequences(
            seqs, model, id_col="user_id", seq_col="seq"
        ).withColumnRenamed("vec_id", "user_id")
        runs.append(scored.select("user_id", F.col("score").alias("target")))
    return ensemble_mean(runs, key="user_id", score_col="target").withColumnRenamed(
        "target_mean", "nn_predict"
    )


def run_submission(
    spark,
    tx: DataFrame,
    cat_vocab: Sequence,
    model: BroadcastModel | None = None,
    n_reps: int = 5,
    use_real_rnn: bool = True,
    blacklist_cats: Sequence = (6012,),
) -> DataFrame:
    """Full pipeline: (user_id, cat, amt, ts, ord) -> (user_id, target).

    Without the reference artifacts (or with ``use_real_rnn=False``) and
    without a ``model``, every stage is in-plan SQL: branch A draws by
    md5 of ``ord`` and U6 is the linear stand-in score, so the output
    depends on the rows alone, not on their partitioning.  ``model`` is
    the reference CatBoost model (``inference.udfs.catboost_cbm_model``).

    Returns the submission DataFrame sorted by user_id; ``write_csv``
    writes it (S3).
    """
    # Branch A on the raw log (the reference scores the RNN before cleaning)
    nn = _rnn_branch(tx, n_reps=n_reps, use_real_rnn=use_real_rnn)

    # Robust cleaning (A7-A9) then branch C features
    cleaned = clean_transactions(
        tx, user_col="user_id", cat_col="cat", value_col="amt", n_amt=10, n_mcc=10
    )
    # no pin of ``cleaned``: branch C is its one consumer, a pin is a wash (sf10)
    feats = branch_c_features(cleaned, cat_vocab=cat_vocab, blacklist_cats=blacklist_cats)

    # Assembly J2 + strict dropna M1 (run.py:435-465)
    assembled = assemble_features([nn, feats], key="user_id", how="outer", fill=None).na.drop()

    # U6 scoring over the wide row: the reference CatBoost model scores
    # through the REAL GBDT, conforming columns by name (J5); no model is
    # the in-plan stand-in score.
    if model is None:
        feature_cols = [c for c in assembled.columns if c != "user_id"]
        preds = assembled.select(
            "user_id", standin_target_column(feature_cols).alias("target")
        )
    else:
        preds = (
            score_catboost(assembled, model, id_col="user_id")
            .withColumnRenamed("vec_id", "user_id")
            .select("user_id", F.col("score").alias("target"))
        )

    # J4/A14: users eliminated anywhere along the way come back at the
    # global max score; W6 sort.  ``preds`` has three consumers (the
    # submission rows, the global-max scalar, the anti-join probe) — pin
    # the ~1-row-per-user result once so the full feature DAG does not
    # replay per consumer (measured 3x the assembled cost unpinned).
    preds = preds.localCheckpoint(eager=True)
    all_users = tx.select("user_id").distinct()
    missing = anti_join_missing(all_users, preds, "user_id")
    return union_fill_max(preds, missing, key="user_id", score_col="target").orderBy("user_id")
